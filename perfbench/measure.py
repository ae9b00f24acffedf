"""Measurement plumbing: process age, Spark event-log metrics, spans
and the Spark process tree.

Spark charges each completed stage to the job description of the first
job that listed it; the benchmark sets one description per timed round
and one per span, so every executor-side number below belongs to a
round or to a span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1e6


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Usage:
    """Executor-side totals of the stages charged to one description."""

    jobs: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    input_read_mb: float = 0.0
    spill_mb: float = 0.0
    intervals: list[tuple[float, float]] = field(default_factory=list)
    # input bytes (MB) of each stage that scans a CSV file
    csv_scan_mb: list[float] = field(default_factory=list)

    def add(self, other: "Usage") -> None:
        for k in ("jobs", "cpu_s", "run_s", "gc_s", "shuffle_write_mb",
                  "input_read_mb", "spill_mb"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.intervals += other.intervals
        self.csv_scan_mb += other.csv_scan_mb

    def busy_s(self, start: float, end: float) -> float:
        """Seconds of [start, end] covered by at least one job."""
        spans = sorted((max(a, start), min(b, end)) for a, b in self.intervals)
        total, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total


def parse_eventlog(log_dir: str) -> dict[str, Usage]:
    """Per-job-description usage from the (uncompressed) event log."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    job_desc: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_desc: dict[int, str] = {}
    out: dict[str, Usage] = {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                job_desc[ev["Job ID"]] = desc
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
                for s in ev.get("Stage Infos", []):
                    stage_desc.setdefault(s["Stage ID"], desc)
            elif kind == "SparkListenerJobEnd":
                use = out.setdefault(job_desc[ev["Job ID"]], Usage())
                use.jobs += 1
                use.intervals.append((job_start[ev["Job ID"]], ev["Completion Time"] / 1e3))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value") or 0 for a in info.get("Accumulables", [])}
                use = out.setdefault(stage_desc.get(info["Stage ID"], ""), Usage())
                use.cpu_s += acc.get("internal.metrics.executorCpuTime", 0) / 1e9
                use.run_s += acc.get("internal.metrics.executorRunTime", 0) / 1e3
                use.gc_s += acc.get("internal.metrics.jvmGCTime", 0) / 1e3
                use.shuffle_write_mb += acc.get("internal.metrics.shuffle.write.bytesWritten", 0) / MB
                use.input_read_mb += acc.get("internal.metrics.input.bytesRead", 0) / MB
                use.spill_mb += (acc.get("internal.metrics.diskBytesSpilled", 0)
                                 + acc.get("internal.metrics.memoryBytesSpilled", 0)) / MB
                if any("Scan csv" in (r.get("Scope") or "") for r in info.get("RDD Info", [])):
                    use.csv_scan_mb.append(acc.get("internal.metrics.input.bytesRead", 0) / MB)
    return out


@dataclass
class Span:
    span_id: int
    name: str
    layer: str | None
    parent: int | None
    run_id: str
    start: float = 0.0
    end: float = 0.0

    @property
    def description(self) -> str:
        return f"{self.run_id}/{self.span_id}:{self.name}"


class Tracer:
    """In-memory spans around calls into the program. Each span sets its
    own Spark job description, so the stages its jobs run are charged to
    it; on exit the enclosing span's description is restored."""

    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, parent.span_id if parent else None, self.run_id)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobDescription(sp.description)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._sc.setJobDescription(parent.description if parent else None)

    def write(self, path: str, usage: dict[str, Usage]) -> None:
        rows = []
        for sp in self.spans:
            use = usage.get(sp.description, Usage())
            rows.append({
                "run_id": sp.run_id, "span_id": sp.span_id, "parent": sp.parent,
                "name": sp.name, "layer": sp.layer, "start": sp.start, "end": sp.end,
                "jobs": use.jobs, "cpu_s": use.cpu_s, "run_s": use.run_s,
                "shuffle_write_mb": use.shuffle_write_mb, "input_read_mb": use.input_read_mb,
            })
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)


def layer_metrics(tracer: Tracer, usage: dict[str, Usage], layers: list[str]) -> dict[str, float]:
    """``<layer>.{wall_s,outside_jobs_s,jobs,cpu_s,python_s,
    shuffle_write_mb,input_read_mb,gc_s}`` summed over the layer's spans;
    a layer no span ran reads 0."""
    out: dict[str, float] = {}
    for layer in layers:
        wall = outside = 0.0
        tot = Usage()
        for sp in tracer.spans:
            if sp.layer != layer:
                continue
            use = usage.get(sp.description, Usage())
            wall += sp.end - sp.start
            outside += (sp.end - sp.start) - use.busy_s(sp.start, sp.end)
            tot.add(use)
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.outside_jobs_s"] = outside
        out[f"{layer}.jobs"] = tot.jobs
        out[f"{layer}.cpu_s"] = tot.cpu_s
        out[f"{layer}.python_s"] = max(0.0, tot.run_s - tot.cpu_s)
        out[f"{layer}.shuffle_write_mb"] = tot.shuffle_write_mb
        out[f"{layer}.input_read_mb"] = tot.input_read_mb
        out[f"{layer}.gc_s"] = tot.gc_s
    return out


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                kids += [int(k) for k in fh.read().split()]
        except OSError:
            pass
    return kids


def process_tree(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo += _children(pid)
    return pids


def timed_rounds(sc, seconds: float, body) -> tuple[list[tuple[str, float]], object]:
    """Run ``body(description)`` in rounds, each under its own job
    description, while the elapsed time plus the last round's stays
    within ``seconds`` (at least once). Returns ``[(description,
    e2e_s)]`` and the last round's result."""
    rounds: list[tuple[str, float]] = []
    start = time.time()
    while True:
        desc = f"round{len(rounds)}"
        sc.setJobDescription(desc)
        t0 = time.time()
        result = body(desc)
        e2e = time.time() - t0
        sc.setJobDescription(None)
        rounds.append((desc, e2e))
        if time.time() - start + e2e > seconds:
            return rounds, result


def round_metrics(rounds: list[tuple[str, float]], usage: dict[str, Usage]) -> dict:
    """Medians over the timed rounds ``(description, e2e_s)`` of the
    end-to-end metrics."""
    med = statistics.median
    return {
        "e2e_s": med([r[1] for r in rounds]),
        "executor_cpu_s": med([usage[r[0]].cpu_s for r in rounds]),
        "shuffle_write_mb": med([usage[r[0]].shuffle_write_mb for r in rounds]),
    }
