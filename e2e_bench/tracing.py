"""Tracing for the benchmark's traced runs: spans around the package's
calls into its own modules (``traced_calls`` in workloads.py), the Spark
event log attributed to those spans, and per-micro-batch progress from a
StreamingQueryListener.

Spans are kept in memory and turned into metrics when the run ends. A
span's name is its layer metric without the unit (``sources.dump.parse``
-> ``sources.dump.parse_s``); its module is the name up to the last dot.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: Modules whose Spark work is reported separately (``<module>.spark.*``).
MODULES = ("sources.dump", "core.diff", "core.script",
           "streaming.runner", "pipeline.text", "pipeline.dedup")

#: Span names per module, in the order they run.
SPANS = ("sources.dump.ddl_scan", "sources.dump.parse",
         "core.diff.diff", "core.diff.stats", "core.diff.apply",
         "core.script.generate", "core.script.write",
         "streaming.runner.stage",
         "streaming.runner.run", "pipeline.text.score_scrub",
         "pipeline.dedup.exact", "pipeline.dedup.lsh",
         "pipeline.dedup.components", "pipeline.dedup.paragraph",
         "pipeline.text.pack", "pipeline.dedup.embedding")

#: Counters a traced iteration records at span boundaries.
COUNTS = ("sources.dump.rows", "sources.dump.bytes_in", "core.diff.changes",
          "core.script.statements", "core.script.bytes_out",
          "pipeline.dedup.lsh_pairs", "pipeline.dedup.embedding_pairs")

#: Spark event-log metrics, per workload and per module.
SPARK_METRICS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                 ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                 ("executor_cpu_s", "s"), ("gc_s", "s"))

#: Micro-batch progress metrics from the listener (``durationMs`` keys).
BATCH_METRICS = (("add_batch_ms", "addBatch"), ("planning_ms", "queryPlanning"),
                 ("wal_commit_ms", "walCommit"))


def module_of(span: str) -> str:
    return span.rsplit(".", 1)[0]


@dataclass
class Span:
    name: str
    start: float
    end: float
    iteration: int


class Tracer:
    """Records spans and counters for traced iterations; a no-op
    otherwise, so the untraced path pays one attribute check per call."""

    def __init__(self) -> None:
        self.enabled = False
        self.iteration = -1
        self.spans: list[Span] = []
        self.counts: dict[tuple[int, str], float] = {}
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            with self._lock:
                self.spans.append(Span(name, t0, time.time(), self.iteration))

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                key = (self.iteration, name)
                self.counts[key] = self.counts.get(key, 0) + value


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _read_event_log(log_dir: str) -> tuple[dict, dict, dict]:
    """(jobs, stage_job, stage_totals) from the run's single event-log
    file: job id -> submission time (ms), stage id -> first job, and
    stage id -> summed task metrics of the stage's completed attempts."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    jobs: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = ev["Submission Time"]
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _zero_stage())
                st["stages"] += 1
                st["tasks"] += info["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], _zero_stage())
                st["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {})
                    .get("Shuffle Bytes Written", 0))
                st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
                st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return jobs, stage_job, stages


def _zero_stage() -> dict:
    return {k: 0 for k, _ in SPARK_METRICS if k != "jobs"}


def spark_metrics(log_dir: str, spans: list[Span],
                  windows: dict[int, tuple[float, float]]) -> dict:
    """Event-log totals per traced iteration (median across iterations),
    for the whole iteration and for each module's spans. A job belongs
    to the innermost (latest-starting) span whose interval holds its
    submission time."""
    jobs, stage_job, stages = _read_event_log(log_dir)
    per_iter: dict[int, dict[str, dict]] = {
        i: {scope: {k: 0 for k, _ in SPARK_METRICS}
            for scope in ("total", *MODULES)} for i in windows}
    job_scope: dict[int, tuple[int, str]] = {}
    for jid, submitted in jobs.items():
        t = submitted / 1000.0
        it = next((i for i, (a, b) in windows.items() if a <= t <= b), None)
        if it is None:
            continue
        inner = max((s for s in spans if s.iteration == it
                     and s.start <= t <= s.end),
                    key=lambda s: s.start, default=None)
        job_scope[jid] = (it, module_of(inner.name) if inner else None)
    for jid, (it, mod) in job_scope.items():
        for scope in ("total", mod):
            if scope is not None:
                per_iter[it][scope]["jobs"] += 1
    for sid, st in stages.items():
        hit = job_scope.get(stage_job.get(sid))
        if hit is None:
            continue
        it, mod = hit
        for scope in ("total", mod):
            if scope is None:
                continue
            for k, v in st.items():
                per_iter[it][scope][k] += v
    out = {}
    for scope in ("total", *MODULES):
        prefix = "spark." if scope == "total" else f"{scope}.spark."
        for k, unit in SPARK_METRICS:
            out[prefix + k] = (_median(per_iter[i][scope][k]
                                       for i in per_iter), unit)
    return out


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the time its child spans (spans of the same
    iteration strictly inside its interval) cover."""
    kids = sorted((s.start, s.end) for s in spans
                  if s is not span and s.iteration == span.iteration
                  and span.start <= s.start and s.end <= span.end)
    covered, reach = 0.0, span.start
    for a, b in kids:
        a = max(a, reach)
        if b > a:
            covered += b - a
            reach = b
    return (span.end - span.start) - covered


def span_cover(tracer: Tracer, windows: dict[int, tuple[float, float]]
               ) -> float:
    """Median share of a traced iteration's wall time that its spans'
    self times account for (1.0 = every blocking step is a span)."""
    shares = []
    for i, (a, b) in windows.items():
        spans = [s for s in tracer.spans if s.iteration == i]
        shares.append(sum(self_time(s, spans) for s in spans) / (b - a))
    return _median(shares)


def span_metrics(tracer: Tracer, iterations: list[int]) -> dict:
    """Per-span busy time and counters, median across traced iterations;
    spans repeated inside one iteration (one per micro-batch) are summed
    first."""
    out = {}
    for name in SPANS:
        per = [sum(self_time(s, tracer.spans) for s in tracer.spans
                   if s.name == name and s.iteration == i)
               for i in iterations]
        out[f"{name}_s"] = (_median(per), "s")
    for name in COUNTS:
        unit = "bytes" if name.endswith("bytes_in") or name.endswith(
            "bytes_out") else "count"
        out[name] = (_median(tracer.counts.get((i, name), 0)
                             for i in iterations), unit)
    return out


class BatchProgress:
    """StreamingQueryListener state: ``durationMs`` of every micro-batch
    that added data, tagged with the benchmark iteration it ran in."""

    def __init__(self) -> None:
        self.batches: list[tuple[int, dict]] = []
        self.iteration = -1
        self._terminated = 0
        self._cond = threading.Condition()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = dict(event.progress.durationMs)
                if "addBatch" in d:
                    with progress._cond:
                        progress.batches.append((progress.iteration, d))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with progress._cond:
                    progress._terminated += 1
                    progress._cond.notify_all()

        return _Listener()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        """Block until ``n`` queries have terminated: the listener bus is
        asynchronous, and a query's progress events precede its
        termination event."""
        with self._cond:
            if not self._cond.wait_for(lambda: self._terminated >= n,
                                       timeout):
                raise RuntimeError("streaming listener saw no termination")

    def metrics(self, iterations: list[int]) -> dict:
        rows = [d for i, d in self.batches if i in iterations]
        trig = sorted(d["triggerExecution"] for d in rows)
        out = {"streaming.runner.batches": (
            len(rows) / max(1, len(iterations)), "count")}
        for name, key in BATCH_METRICS:
            out[f"streaming.runner.{name}"] = (
                _median(d.get(key, 0) for d in rows), "ms")
        out["streaming.runner.trigger_p50_ms"] = (_pct(trig, 0.5), "ms")
        out["streaming.runner.trigger_p90_ms"] = (_pct(trig, 0.9), "ms")
        return out


def _pct(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank percentile (0 for no samples)."""
    if not sorted_vals:
        return 0.0
    return float(sorted_vals[max(0, math.ceil(q * len(sorted_vals)) - 1)])
